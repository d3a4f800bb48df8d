package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.local("graft-bench")
    // Absorb session bootstrap (codegen, JIT, shuffle service) outside the
    // per-query timings.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Dev aid: SPARK_GRAFT_ONLY=<regex> benches a subset (driver leaves it
    // unset and measures everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.findFirstIn(name).isDefined)
    }
    // Shared pipelines (LSH pairs/components, Lloyd training) are built ONCE
    // per session and fanned out to many queries; time the builds explicitly
    // so per-query numbers measure SERVING, not whichever (alphabetically
    // first) consumer happens to trigger the materialization — round 4's
    // corpus_refinery at 9.3 s was ~80% this attribution artifact. Dev
    // subsets (SPARK_GRAFT_ONLY) skip the fronting, so a lone family
    // measurement still sees its own build cost. A build that throws is
    // reported as `pipeline:<name>` in the `failed` list and left out of
    // the times, never timed as a fast success.
    val pipelineRuns = if (only.nonEmpty) Seq.empty else
      SparkEntry.pipelines.map { case (name, build) =>
        val t0 = System.nanoTime()
        val ok = try { build(spark, sfDir); true } catch { case e: Throwable =>
          println(s"[bench] pipeline:$name failed: ${e.getMessage}")
          false
        }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    val pipelineTimes = pipelineRuns.collect { case (k, t, true) => k -> t }
    val pipelineFailures = pipelineRuns.collect { case (k, _, false) => s"pipeline:$k" }
    // Fixed (sorted) execution order: Map iteration order scatters the
    // session's cold-start costs (codegen/JIT of the first big expression
    // trees) onto arbitrary queries each build, which round 3 showed as a
    // phantom 5× on whichever flagship ran first. Sorted order pins the
    // warm-up bias to the same queries every round, making per-query
    // numbers comparable across rounds.
    //
    // MEDIANS-OF-N (round 6): single-shot timings proved untrustworthy —
    // BENCH_r05's driver run read 8-10× the builder's clean re-measurements
    // on the heavy queries while trivial ones moved only +10-25%, a profile
    // nobody could split into contamination vs regression. Each query now
    // runs `reps` back-to-back; the reported number is the MEDIAN (rep 1
    // absorbs codegen/JIT + cold page cache; the median measures warm
    // serve, the stable round-over-round comparable), and the relative
    // spread (max−min)/median is emitted per query so a contended box is
    // visible IN the artifact instead of arguing with it after the fact.
    // Pipelines stay single-shot: they are once-per-session materializations
    // by design (SessionCache makes a second call a no-op), and tripling the
    // heaviest builds would blow the driver's time budget — their trust
    // signal is the query-side spread measured in the same session.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    // (median, warm spread, any-rep-failed). A rep that throws is recorded
    // as a FAILURE, not timed as a success — time-to-exception flowing into
    // the median made a consistently failing query look clean (round-6
    // advice); failed rows report med = -1 and are excluded from totals.
    // PLAN FINGERPRINT per query (exchange / join-strategy counts from the
    // FINAL adaptive plan): the round-7 wins (q18 zero-exchange, funnel one
    // exchange) were pinned only in specs — a fingerprint column in the
    // artifact makes plan regressions visible round-over-round the way
    // spreads made contention visible. Computed once per query from the
    // last rep's finalized plan; cost is a string scan, not a Spark job.
    val fingerprints = scala.collection.mutable.Map.empty[String, String]
    // Numeric (hx, cb) per query for the automated plan gate below.
    val fpNums = scala.collection.mutable.Map.empty[String, graft.engine.PlanGate.Fp]
    def fingerprint(name: String, df: org.apache.spark.sql.DataFrame): String = {
      // Serve-plan tree walk (cache boundaries excluded) — see
      // graft.engine.PlanNodes for why string-grep counting is wrong.
      val all = graft.engine.PlanNodes.serveNodes(df)
      def n(s: String) = graft.engine.PlanNodes.count(all, s)
      val hx = graft.engine.PlanNodes.hashExchanges(all)
      val cb = graft.engine.PlanNodes.cachedBroadcasts(all)
      fpNums(name) = graft.engine.PlanGate.Fp(hx, cb)
      s""""hashExchanges":$hx,""" +
        s""""broadcastHash":${n("BroadcastHashJoin")},""" +
        s""""sortMerge":${n("SortMergeJoin")},""" +
        s""""shuffledHash":${n("ShuffledHashJoin")},""" +
        s""""nestedLoop":${n("BroadcastNestedLoopJoin")},""" +
        s""""cartesian":${n("CartesianProduct")},""" +
        s""""cachedBroadcast":$cb"""
    }
    val results: Map[String, (Double, Double, Boolean)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        var lastDf: org.apache.spark.sql.DataFrame = null
        val raw: Seq[(Double, Boolean)] = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { val df = fn(spark, sfDir); df.count(); lastDf = df; true }
                   catch { case _: Throwable => false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        if (lastDf != null)
          try fingerprints(name) = fingerprint(name, lastDf)
          catch { case _: Throwable => () }
        if (raw.exists(!_._2)) name -> (-1.0, 0.0, true)
        else {
          val times = raw.map(_._1).sorted
          val med = times(times.size / 2)
          // Spread over the WARM reps only (chronological tail, rep 1
          // dropped): rep 1 deterministically carries the query's one-time
          // codegen/JIT + cold page cache, so including it would report
          // warm-up as noise on every fast query. Warm reps disagreeing is
          // the actual contention signal.
          val warm = if (raw.size > 1) raw.tail.map(_._1) else raw.map(_._1)
          val spread = if (med > 0) (warm.max - warm.min) / med else 0.0
          name -> (med, spread, false)
        }
      }.toMap
    // SELF-HEAL noisy rows (the bench analog of ScaleSweep's medians mode):
    // a row whose warm reps disagreed by more than half its median was hit
    // by box contention mid-run — round 7 caught q18 at 3.76 s / spread
    // 0.92 in one full pass vs 1.02 s / 0.01 in the next. Re-measure such
    // rows with 5 fresh back-to-back reps and report THAT median; the row
    // names land in the headline's "healed" list so the event is recorded,
    // not hidden. Tiny rows are exempt (relative spread on a 50 ms row is
    // scheduler noise, not contention).
    // Budget guard: on a badly contended box MANY rows trip the threshold,
    // and healing each costs 5 fresh reps — cap the heal set to the 8
    // largest-median offenders (the rows whose medians actually matter for
    // round-over-round comparison; the rest keep their spread signal).
    val healNames = results.toSeq.collect {
      case (name, (med, spread, false)) if spread > 0.5 && med > 0.3 => (name, med)
    }.sortBy(-_._2).take(8).map(_._1).sorted
    val healed: Map[String, (Double, Double, Boolean)] = healNames.map { name =>
      val raw = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { selected(name)(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      if (raw.exists(!_._2)) name -> (-1.0, 0.0, true)
      else {
        val times = raw.map(_._1).sorted
        val med = times(times.size / 2)
        val warm = raw.tail.map(_._1)
        name -> (med, if (med > 0) (warm.max - warm.min) / med else 0.0, false)
      }
    }.toMap
    // A heal only REPLACES the measurement (and only lands in the headline
    // "healed" list) when it moved the median materially LOWER (>20%) —
    // round 15, closing the r14 driver-heal item. The spread trigger is a
    // contention DETECTOR; when the 5-rep retry lands on the original
    // median, the original number was fine and reporting it "healed" reads
    // as a warm-up artifact where none existed (the r14 driver artifact
    // carried 6 healed rows this way). A retry that FAILS or measures
    // HIGHER keeps the original successful measurement — contention only
    // inflates, so the lower median is closer to the clean cost (the
    // old unconditional replace let a transient retry failure poison a
    // good row with failed=-1).
    val healApplied: Map[String, (Double, Double, Boolean)] =
      healed.flatMap {
        case (name, (med, spread, false)) if med < 0.8 * results(name)._1 =>
          Some(name -> ((med, spread, false)))
        case (name, (med, _, false)) =>
          println(f"BENCH_DETAIL heal_noop $name orig=${results(name)._1}%.3f " +
            f"retry=$med%.3f (kept original)")
          None
        case (name, _) =>
          println(s"BENCH_DETAIL heal_noop $name retry failed (kept original)")
          None
      }
    // finalResults is assembled AFTER the sweep sections (second-chance
    // heal, round 14) — every consumer sits below that point.
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    // RECALL@10 of the IVF-PQ serve lifecycle vs the exact L2 answer set:
    // the correctness rows pin DETERMINISM (each serve equals its replayed
    // oracle), but nothing tracked retrieval QUALITY round-over-round — a
    // codebook or probe regression would keep every hash green while
    // recall silently sank. Persisted serve scores against corpus truth;
    // append/compacted serve base ∪ delta, so their truth includes the
    // clone batch (ids offset by 1e15, exactly as the delta is built).
    // Truth is the same exact-L2 window the PQSpec recall pin uses; the
    // driver pull is |Q|·10 id pairs — bounded.
    val lifecycleServes = Seq(
      "ann_ivf_pq_persisted", "ann_ivf_pq_full_probe",
      "ann_ivf_pq_append", "ann_ivf_pq_compacted",
      "ann_ivf_pq_promoted",
      "ann_ivf_pq_promoted_append", "ann_ivf_pq_promoted_delete")
    val recall: Seq[(String, Double)] =
      if (!lifecycleServes.forall(selected.contains)) Seq.empty
      else try {
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        val vecs = graft.engine.Catalog.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val queries = vecs.filter(col("vec_id") % 100 === 0)
        val delta = vecs.filter(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 1000000000000000L).as("vec_id"), col("embedding"))
        def truthSet(corpus: DataFrame): Set[(Long, Long)] =
          corpus.select(col("vec_id").as("neighbor"), col("embedding").as("e"))
            .crossJoin(broadcast(queries.select(
              col("vec_id").as("q_vec"), col("embedding").as("q"))))
            .filter(col("q_vec") =!= col("neighbor"))
            .withColumn("d2",
              graft.expressions.SqDist.sqDist(col("q"), col("e")))
            // Bounded cut, not a window — the truth pass scores
            // |corpus|·|Q| rows and the window form sorted them all.
            .transform(df => graft.ops.Similarity.topKCut(df, "d2", 10,
              ascending = true))
            .select("q_vec", "neighbor").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val truthBase = truthSet(vecs)
        val truthUnion = truthSet(vecs.unionByName(delta))
        def hits(name: String, truth: Set[(Long, Long)]): Double = {
          val got = selected(name)(spark, sfDir)
            .select("q_vec", "neighbor").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          if (truth.isEmpty) 0.0 else truth.count(got).toDouble / truth.size
        }
        // The promoted point scores against the exact truth on ITS corpus
        // (the derived clustered corpus its index serves) — recall here is
        // the 0.565-class number the sweep promised, carried per run.
        val promCorpus = graft.queries.TrainQ.promotedCorpus(spark, sfDir)
        val promProbes = promCorpus.filter(col("vec_id") % 100 === 0)
        val truthProm = graft.ops.AnnSweep.truthPairs(promCorpus,
          promProbes, "vec_id", "embedding", 10)
        // Lifecycle truths at the promoted point (round 14): exact L2 over
        // base ∪ delta (the mod-3 clone batch, same 10^15 id namespace the
        // serve and oracle use), and over the post-delete state (mod-6
        // base family removed). Probes are vec_id % 100 = 0 — never in the
        // deleted family, so the probe set is identical across all three.
        val promDelta = promCorpus.filter(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 1000000000000000L).as("vec_id"),
            col("embedding"))
        val truthPromUnion = graft.ops.AnnSweep.truthPairs(
          promCorpus.unionByName(promDelta), promProbes,
          "vec_id", "embedding", 10)
        val truthPromDeleted = graft.ops.AnnSweep.truthPairs(
          promCorpus.filter(!(col("vec_id") % 10 === 6))
            .unionByName(promDelta), promProbes,
          "vec_id", "embedding", 10)
        def hitsProm(name: String, truth: Set[(Long, Long)]): Double = {
          val got = selected(name)(spark, sfDir)
            .select("q_vec", "neighbor").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          if (truth.isEmpty) 0.0
          else truth.count(got).toDouble / truth.size
        }
        Seq(
          "ann_ivf_pq_persisted" -> hits("ann_ivf_pq_persisted", truthBase),
          "ann_ivf_pq_full_probe" -> hits("ann_ivf_pq_full_probe", truthBase),
          "ann_ivf_pq_append" -> hits("ann_ivf_pq_append", truthUnion),
          "ann_ivf_pq_compacted" -> hits("ann_ivf_pq_compacted", truthUnion),
          "ann_ivf_pq_promoted" -> hitsProm("ann_ivf_pq_promoted", truthProm),
          "ann_ivf_pq_promoted_append" ->
            hitsProm("ann_ivf_pq_promoted_append", truthPromUnion),
          "ann_ivf_pq_promoted_delete" ->
            hitsProm("ann_ivf_pq_promoted_delete", truthPromDeleted))
      } catch {
        case e: Throwable =>
          println(s"[bench] recall computation failed: ${e.getMessage}")
          Seq.empty
      }
    // OVERLAP@10 of the token-IVF MaxSim serve vs the exact full-corpus
    // MaxSim truth (round 11) — the late-interaction analog of the dense
    // recall@10 rows: hash-correctness pins the serve's determinism, this
    // metric pins its retrieval QUALITY round-over-round (a quantizer or
    // candidate-depth regression keeps every hash green while overlap
    // sinks). Driver pull is 2·|Q|·10 id pairs — bounded.
    val maxsimOverlap: Option[Double] =
      if (!selected.contains("retrieval_maxsim_topk") ||
          !selected.contains("retrieval_maxsim_ivf")) None
      else try {
        def pairs(name: String): Set[(Long, Long)] =
          selected(name)(spark, sfDir).select("q_doc", "doc_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        val truth = pairs("retrieval_maxsim_topk")
        val got = pairs("retrieval_maxsim_ivf")
        Some(if (truth.isEmpty) 0.0 else truth.count(got).toDouble / truth.size)
      } catch {
        case e: Throwable =>
          println(s"[bench] maxsim overlap failed: ${e.getMessage}")
          None
      }
    // LEXICAL STALENESS (round 11): top-20 overlap of the frozen-stats
    // APPENDED serve vs the stat-refreshed COMPACTED serve — the
    // maint_recall analog for the BM25 impact index. Both rows are
    // hash-exact against their own oracles; this measures what the
    // DEFERRED stat refresh costs in ranking terms.
    val bm25StaleOverlap: Option[Double] =
      if (!selected.contains("text_bm25_impact_append") ||
          !selected.contains("text_bm25_impact_compacted")) None
      else try {
        def docs(name: String): Set[Long] =
          selected(name)(spark, sfDir).select("doc_id").collect()
            .map(_.getLong(0)).toSet
        val fresh = docs("text_bm25_impact_compacted")
        val stale = docs("text_bm25_impact_append")
        Some(if (fresh.isEmpty) 0.0 else fresh.count(stale).toDouble / fresh.size)
      } catch {
        case e: Throwable =>
          println(s"[bench] bm25 staleness overlap failed: ${e.getMessage}")
          None
      }
    // MAXSIM OPERATING-POINT SWEEP (round 11): the dense family's
    // recall/cost sweep, for the late-interaction serve — overlap@10 vs
    // the exact truth and serve seconds at (nprobe, T) points bracketing
    // the pinned (2, 20), measured on the SHIPPED serve code
    // (SimilarityQ.maxsimIvfServeAt). Shows where quality lives on both
    // knobs and that the pinned point has margin — evidence, not vibes.
    val maxsimSweep: Seq[(String, Double, Double)] =
      if (only.nonEmpty || !selected.contains("retrieval_maxsim_topk")) Seq.empty
      else try {
        val truth = selected("retrieval_maxsim_topk")(spark, sfDir)
          .select("q_doc", "doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // (nprobe, T) knob points at the pinned kc = 8, plus a kc AXIS at
        // the pinned (2, 20): §9 claims kc scales with the vocabulary to
        // hold candidate share constant — these points show quality holds
        // (overlap vs exact) as cells shrink; the 10x sweep carries the
        // serve-cost side (maxsim_serve_kc rows in SCALESWEEP).
        val knobPts = Seq((1, 5), (1, 20), (2, 5), (2, 20), (4, 40)).map {
          case (np, t) =>
            (s"np${np}_t$t",
              () => graft.queries.SimilarityQ.maxsimIvfServeAt(spark, sfDir, np, t))
        }
        // kc points PRE-TRAIN their quantizer outside the timed region
        // (round 13 split): training is train-once/serve-many and costs
        // grow with kc, so timing it with the serve buried the candidate-
        // share signal — every sweep point now times SERVE ONLY, making
        // kc-to-kc AND kc-to-np comparisons fair (the np/T points always
        // served from the session-cached quantizer).
        val kcPts = Seq(16, 32).map { kc =>
          val q = graft.queries.SimilarityQ.maxsimQuantizerAtKc(spark, sfDir, kc)
          (s"np2_t20_kc$kc",
            () => graft.queries.SimilarityQ.maxsimServeQuantized(spark, sfDir, q))
        }
        val basePts = for ((label, serve) <- knobPts ++ kcPts) yield {
          val t0 = System.nanoTime()
          val got = serve()
            .select("q_doc", "doc_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val secs = (System.nanoTime() - t0) / 1e9
          val ov = if (truth.isEmpty) 0.0
                   else truth.count(got).toDouble / truth.size
          (label, ov, secs)
        }
        // BIGVOCAB kc AXIS (round 13): the base corpus's 31 words saturate
        // the axis at kc = 16 (§9's caveat) — these points measure the
        // same serve on the ~7.5k-word salted fixture, where candidate
        // share keeps shrinking as kc grows. Truth = the FULL-PROBE exact
        // serve on the same fixture (every cell admitted, unbounded T —
        // provably the exact MaxSim ranking); overlap@10 against it rides
        // each point like the dense family's recall.
        // The bigvocab axis rides its OWN try (r13 advice): basePts is
        // already measured by this point, and a bigvocab-only failure
        // throwing past `basePts ++ bigPts` discarded the whole sweep.
        val bigPts = try {
          val bigTruth = graft.queries.SimilarityQ
            .maxsimServeAtKc(spark, sfDir, 8, nprobe = 8,
              candT = Int.MaxValue, big = true)
            .select("q_doc", "doc_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          for (kc <- Seq(8, 16, 32, 64, 128)) yield {
            val q = graft.queries.SimilarityQ
              .maxsimQuantizerAtKc(spark, sfDir, kc, big = true)
            val t0 = System.nanoTime()
            val got = graft.queries.SimilarityQ
              .maxsimServeQuantized(spark, sfDir, q, big = true)
              .select("q_doc", "doc_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            val secs = (System.nanoTime() - t0) / 1e9
            val ov = if (bigTruth.isEmpty) 0.0
                     else bigTruth.count(got).toDouble / bigTruth.size
            (s"bigvocab_kc$kc", ov, secs)
          }
        } catch {
          case e: Throwable =>
            println(s"[bench] maxsim bigvocab sweep failed: ${e.getMessage}")
            Seq.empty
        }
        basePts ++ bigPts
      } catch {
        case e: Throwable =>
          println(s"[bench] maxsim sweep failed: ${e.getMessage}")
          Seq.empty
      }
    maxsimSweep.foreach { case (pt, ov, secs) =>
      println(f"BENCH_DETAIL maxsim_sweep:$pt overlap=$ov%.3f serve_s=$secs%.2f")
    }
    // SEGMENT-COUNT SWEEP (round 12): serve cost of the multi-segment BM25
    // impact serve at nseg ∈ 0..3 on the SHIPPED serve code — the
    // lifecycle claim ("segment-union serving is flat in segment count at
    // fixed per-segment size") as a measurement instead of prose. Warm
    // median of 2 (single-shot first-touch reads the segment dirs cold).
    val bm25SegSweep: Seq[(Int, Double)] =
      if (only.nonEmpty) Seq.empty
      else try {
        for (nseg <- Seq(0, 1, 2, 3)) yield {
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            graft.queries.CorpusQ.bm25MultisegServeAt(spark, sfDir, nseg).count()
            (System.nanoTime() - t0) / 1e9
          }
          (nseg, ts.min)
        }
      } catch {
        case e: Throwable =>
          println(s"[bench] bm25 segment sweep failed: ${e.getMessage}")
          Seq.empty
      }
    bm25SegSweep.foreach { case (nseg, secs) =>
      println(f"BENCH_DETAIL bm25_seg_sweep:nseg$nseg serve_s=$secs%.2f")
    }
    // PROBE-AXIS SWEEP (round 12): serve cost vs WORKLOAD size at fixed
    // corpus for the three persisted serves — the axis the scale sweeps
    // hold fixed (they pin probes and grow the corpus; this holds the
    // corpus and grows the probes). Expected shape: strongly sub-linear in
    // |Q| (batch amortization — one plan, one index read fans out across
    // queries) flattening toward linear at large |Q| where per-query work
    // dominates. Probe counts come from the corpus via a modulus (dense /
    // maxsim) or a generated workload table (bm25 batch); warm min-of-2.
    val probeSweep: Seq[(String, Int, Double)] =
      if (only.nonEmpty) Seq.empty
      else try {
        val nDocs = graft.engine.Catalog.load(spark, sfDir, "documents")
          .count().toInt
        val nVecs = graft.engine.Catalog.load(spark, sfDir, "embeddings")
          .count().toInt
        def pts(total: Int) =
          Seq(10, 100, 1000).map(n => math.max(1, total / n) -> n)
        def t2(f: => Unit): Double = {
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          ts.min
        }
        val dense = pts(nVecs).map { case (mod, n) =>
          ("ivf_dense", n,
            t2(graft.queries.TrainQ.kmeansServeAtProbes(spark, sfDir, mod).count()))
        }
        // The late-interaction probe unit is a DOCUMENT (~100 token
        // queries each), so q1000 would be ~100k token-queries — an order
        // of magnitude past the other families' q1000 work. The per-probe
        // flatness claim is carried by the q10 -> q100 pair; the q1000
        // point rides the families whose probe is one query.
        val maxsim = pts(nDocs).take(2).map { case (mod, n) =>
          ("maxsim_ivf", n,
            t2(graft.queries.SimilarityQ
              .maxsimPersistedServeAtProbes(spark, sfDir, mod).count()))
        }
        val bm25 = Seq(10, 100, 1000).map { n =>
          ("bm25_impact", n,
            t2(graft.queries.CorpusQ.bm25BatchServeAt(spark, sfDir, n).count()))
        }
        dense ++ maxsim ++ bm25
      } catch {
        case e: Throwable =>
          println(s"[bench] probe sweep failed: ${e.getMessage}")
          Seq.empty
      }
    probeSweep.foreach { case (fam, n, secs) =>
      println(f"BENCH_DETAIL probe_sweep:$fam:q$n serve_s=$secs%.2f")
    }
    val recallAll = recall ++
      maxsimOverlap.map("maxsim_ivf_overlap" -> _).toSeq ++
      bm25StaleOverlap.map("bm25_append_overlap" -> _).toSeq
    recallAll.foreach { case (k, v) =>
      println(f"BENCH_DETAIL recall@10:$k $v%.3f")
    }
    // RECALL/COST SWEEP (round 9): the lifecycle recall above measures ONE
    // operating point (K=4 cells, nprobe=2, m=4, k=8 — recall ≈ 0.08 on
    // the near-isotropic corpus), which left open whether recall is
    // recoverable by the knobs the operator exposes. The sweep answers it
    // with measurements: 4 points on the real corpus (nprobe 2→8, m 4→16,
    // codebooks 8→256) and 3 on a deterministic CLUSTERED corpus where ANN
    // structure exists to find (AnnSweep.clusteredCorpus). Large codebooks
    // run on the data-driven join path (AnnSweep) — literal-expression
    // centroids stop scaling at k≈16; the join trainer is pinned equal to
    // KMeans.lloyd at small k in AnnSweepSpec.
    val sweepResults: Seq[graft.ops.AnnSweep.SweepResult] =
      if (only.nonEmpty) Seq.empty
      else try {
        import graft.ops.AnnSweep
        import graft.ops.AnnSweep.OpPoint
        import org.apache.spark.sql.functions.col
        val emb = graft.engine.Catalog.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val real = AnnSweep.sweep(emb, "vec_id", "embedding", 64, Seq(
          OpPoint("emb_np2_m4_k8", kc = 16, nprobe = 2, m = 4, k = 8),
          OpPoint("emb_np4_m8_k64", kc = 16, nprobe = 4, m = 8, k = 64),
          OpPoint("emb_np8_m8_k256", kc = 16, nprobe = 8, m = 8, k = 256),
          OpPoint("emb_np8_m16_k256", kc = 16, nprobe = 8, m = 16, k = 256)))
        val clustered = AnnSweep.sweep(
          AnnSweep.clusteredCorpus(spark, 2000, 64, 20, 0.3),
          "vec_id", "embedding", 64, Seq(
            OpPoint("clu_np2_m8_k64", kc = 20, nprobe = 2, m = 8, k = 64),
            OpPoint("clu_np4_m16_k256", kc = 20, nprobe = 4, m = 16, k = 256),
            OpPoint("clu_np4_m32_k256", kc = 20, nprobe = 4, m = 32, k = 256)))
        // THIRD corpus (round 15, the r14 verdict's geometry item): the
        // operating-point curve was measured only on near-isotropic and
        // well-separated-isotropic geometry — the two shapes IVF-PQ is
        // BEST at. The skewed corpus (anisotropic ellipsoids, heavy-tailed
        // cluster masses, 5% outlier vectors — AnnSweep.skewedCorpus) is
        // the one that can actually embarrass it; same points as the
        // clustered corpus so the two curves are directly comparable.
        val skewed = AnnSweep.sweep(
          AnnSweep.skewedCorpus(spark, 2000, 64, 20, 0.3),
          "vec_id", "embedding", 64, Seq(
            OpPoint("skw_np2_m8_k64", kc = 20, nprobe = 2, m = 8, k = 64),
            OpPoint("skw_np4_m16_k256", kc = 20, nprobe = 4, m = 16, k = 256),
            OpPoint("skw_np4_m32_k256", kc = 20, nprobe = 4, m = 32, k = 256)))
        real ++ clustered ++ skewed
      } catch {
        case e: Throwable =>
          println(s"[bench] recall sweep failed: ${e.getMessage}")
          Seq.empty
      }
    sweepResults.foreach { r =>
      println(f"BENCH_DETAIL recall_sweep:${r.name} recall=${r.recall}%.3f " +
        f"build_s=${r.buildS}%.2f serve_s=${r.serveS}%.2f")
    }
    // MAINTENANCE RECALL (round 9 stretch): the lifecycle rows pin
    // appended == compacted bit-equal, but equality can't see shared
    // decay — the delta is encoded with codebooks trained before it
    // existed. Measure the decay at the best swept point on the clustered
    // corpus: frozen-model append vs from-scratch retrain, both scored
    // against exact truth on base ∪ delta (rationale + cost columns in
    // AnnSweep.appendRecall). Base = ids < 1800 keeps every cluster
    // represented (cluster = id % c), so the delta is new members of
    // known cells — the daily-ingest shape.
    val maintRecall: Option[graft.ops.AnnSweep.AppendRecall] =
      if (only.nonEmpty) None
      else try {
        import org.apache.spark.sql.functions.col
        val corpus = graft.ops.AnnSweep.clusteredCorpus(spark, 2000, 64, 20, 0.3)
        Some(graft.ops.AnnSweep.appendRecall(
          corpus.filter(col("vec_id") < 1800),
          corpus.filter(col("vec_id") >= 1800),
          "vec_id", "embedding", 64,
          graft.ops.AnnSweep.OpPoint("clu_np4_m16_k256", kc = 20, nprobe = 4,
            m = 16, k = 256)))
      } catch {
        case e: Throwable =>
          println(s"[bench] maintenance recall failed: ${e.getMessage}")
          None
      }
    maintRecall.foreach { r =>
      println(f"BENCH_DETAIL maint_recall:${r.name} appended=${r.appended}%.3f " +
        f"retrained=${r.retrained}%.3f append_s=${r.appendS}%.2f retrain_s=${r.retrainS}%.2f")
    }
    // BPE VOCABULARY-SIZE SWEEP (round 9): SURVEY §9 claims training cost
    // stays vocabulary-bounded as the merge count grows — until now argued
    // from the single k=8 point the pinned rows train. Measure it: train at
    // k ∈ {8, 32, 128} and carry (train_s, merges actually learned,
    // corpus-weighted mean tokens/word of the final state). Monotone
    // compression is structural (each merge only contracts — pinned in
    // CorpusSpec); the artifact shows the COST curve: per-round cost is a
    // bounded aggregate over the distinct-word table, so train_s should
    // grow ~linearly in rounds, not in corpus bytes.
    val bpeSweep: Seq[(Int, Double, Int, Double)] =
      if (only.nonEmpty) Seq.empty
      else try {
        import org.apache.spark.sql.functions.expr
        Seq(8, 32, 128).map { k =>
          val t0 = System.nanoTime()
          val (merges, vocab) = graft.ops.Corpus.bpeTrain(
            graft.engine.Catalog.load(spark, sfDir, "documents"), "text", k)
          val row = vocab.agg(
            expr("sum(wc * size(split(trim(spaced), ' ')))"),
            expr("sum(wc)")).head
          val meanTok = row.getLong(0).toDouble / row.getLong(1)
          vocab.unpersist()
          (k, (System.nanoTime() - t0) / 1e9, merges.size, meanTok)
        }
      } catch {
        case e: Throwable =>
          println(s"[bench] bpe sweep failed: ${e.getMessage}")
          Seq.empty
      }
    bpeSweep.foreach { case (k, s, n, mt) =>
      println(f"BENCH_DETAIL bpe_sweep:k$k train_s=$s%.2f merges=$n mean_tokens=$mt%.3f")
    }
    // AUTOMATED PLAN GATE (round 9): diff every row's (hashExchanges,
    // cachedBroadcast) against the committed clean-box baseline — the diff
    // a human did by hand when it caught basket_part_pairs. Rules and
    // rationale in graft.engine.PlanGate; injected-regression coverage in
    // PlanGateSpec. SPARK_GRAFT_WRITE_PLAN_BASELINE=<path> re-authors the
    // baseline from this run (clean box only).
    // Warm medians + spreads ride the gate too (round 10): the r9
    // dedup_ngram_jaccard pair ran ×2.3-3.1 slower on BIT-IDENTICAL
    // fingerprints — the regression class a plan diff is structurally
    // blind to. The committed baseline now carries each row's clean-box
    // median; any row exceeding it >2× at low warm spread fails loudly.
    // SECOND-CHANCE HEAL (round 14): the first heal runs back-to-back with
    // the contended measurement, so a multi-minute interference episode
    // re-measures INSIDE the episode — r13's driver bench healed q18 to
    // 5.95 s at spread 2.48 while the same query's local median was 0.86 s.
    // Rows whose HEALED spread still exceeds the threshold get one more
    // 5-rep attempt here, after the sweep sections above have run for
    // minutes; keep whichever attempt has the LOWER median (contention
    // only ever inflates, so the lower median is closer to the clean cost).
    val stillNoisy = healed.collect {
      case (name, (med, spread, false)) if spread > 0.5 && med > 0.3 => name
    }.toSeq.sorted
    // Best successful measurement so far — the second heal must beat THIS
    // (original, or the first heal when it was applied), and the same
    // moved-materially rule decides whether it replaces and reports.
    def bestSoFar(name: String): Double =
      math.min(results(name)._1,
        healApplied.get(name).map(_._1).getOrElse(Double.MaxValue))
    val secondHeal: Map[String, (Double, Double, Boolean)] =
      stillNoisy.flatMap { name =>
        val raw = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { selected(name)(spark, sfDir).count(); true }
                   catch { case _: Throwable => false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        if (raw.exists(!_._2)) None
        else {
          val times = raw.map(_._1).sorted
          val med = times(times.size / 2)
          val warm = raw.tail.map(_._1)
          val spread = if (med > 0) (warm.max - warm.min) / med else 0.0
          println(f"BENCH_DETAIL second_heal $name first=${bestSoFar(name)}%.3f " +
            f"retry=$med%.3f spread=$spread%.2f")
          if (med < 0.8 * bestSoFar(name)) Some(name -> (med, spread, false))
          else None
        }
      }.toMap
    val finalResults = results ++ healApplied ++ secondHeal
    val gateTimes: Map[String, (Double, Double)] = finalResults.collect {
      case (name, (med, spread, false)) => name -> (med, spread)
    }.toMap
    // PIPELINE time channel (round 11): the builds are ~1/3 of the clean-box
    // session (the promoted index alone ~29 s) yet had no committed
    // baselines — a build-cost regression was gate-invisible. Pipelines ride
    // the SAME time rule under `pipeline:<name>` rows (fingerprint columns
    // are written as zeros and never checked — no query fingerprint carries
    // these names). Builds are single-shot by design, so spread is recorded
    // as 0.0 (always time-eligible); the >2× factor over a ≥0.3 s baseline
    // absorbs single-shot jitter on real builds.
    val pipelineGateTimes: Map[String, (Double, Double)] =
      pipelineTimes.map { case (k, v) => s"pipeline:$k" -> (v, 0.0) }.toMap
    sys.env.get("SPARK_GRAFT_WRITE_PLAN_BASELINE").foreach { p =>
      val plFp = pipelineTimes
        .map { case (k, _) => s"pipeline:$k" -> graft.engine.PlanGate.Fp(0, 0) }
      val meds = (gateTimes ++ pipelineGateTimes).map {
        case (k, (med, _)) => k -> med
      }
      // Dual-median epoch carry (round 12): re-authoring must not let an
      // interference plateau widen the time allowance — rows measuring
      // far above the previous baseline's tightest epoch keep that clean
      // median as "cmed" (and the gate takes the min); rows back in family
      // auto-restore to a single epoch. See PlanGate.carryCleanMedians.
      val prev = try {
        val bp = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_PLAN_BASELINE", "PLAN_BASELINE.json"))
        if (java.nio.file.Files.exists(bp))
          graft.engine.PlanGate.parseBaseline(java.nio.file.Files.readString(bp))
        else Map.empty[String, graft.engine.PlanGate.Base]
      } catch { case e: Throwable =>
        // A prior baseline that EXISTS but cannot be parsed must not
        // silently drop every clean-epoch carry — that would quietly
        // re-widen the time allowance the dual-median feature protects
        // (round-12 advice). The re-authored file is still written (the
        // gate's own parse failure surfaces separately), but loudly.
        println("[bench] WARNING: previous plan baseline exists but failed " +
          s"to parse — NO clean-epoch (cmed) carries this re-author: " +
          Option(e.getMessage).getOrElse(e.getClass.getName))
        Map.empty[String, graft.engine.PlanGate.Base]
      }
      val cmeds = graft.engine.PlanGate.carryCleanMedians(prev, meds)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        graft.engine.PlanGate.render(fpNums.toMap ++ plFp, meds, cmeds))
      println(s"[bench] wrote plan baseline $p " +
        s"(${fpNums.size} query + ${plFp.size} pipeline rows; " +
        s"${cmeds.size} clean-epoch carry: ${cmeds.keys.toSeq.sorted.mkString(",")})")
    }
    val (gateViolations, gateInfo): (Seq[String], Seq[String]) =
      if (only.nonEmpty) (Seq.empty, Seq.empty)
      else try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_PLAN_BASELINE", "PLAN_BASELINE.json"))
        if (!java.nio.file.Files.exists(p)) {
          println(s"[bench] no plan baseline at $p - gate skipped")
          (Seq.empty, Seq.empty)
        } else {
          val base = graft.engine.PlanGate
            .parseBaseline(java.nio.file.Files.readString(p))
          // TIME-VIOLATION RE-MEASURE (round 17, the r16 verdict's #4 —
          // the serve-pin discipline ported to the time channel): a
          // main-loop median is measured minutes from its baseline twin,
          // so an episode onset mid-run ships one-shot violations (r16's
          // q18 13.43 s vs 1.16 s local, bit-identical plans). Any QUERY
          // row whose main-loop median would fire the time rule is re-run
          // back-to-back, medians-of-3, and the gate verdicts on the
          // LOWER median (contention only inflates; a retry that measures
          // higher confirms the original). The event is always printed —
          // a cleared firing is recorded, not hidden. Pipeline rows are
          // session-cached builds (a re-run is a no-op), so their
          // violations stand as one-shots with a printed note.
          val mainTimes = gateTimes ++ pipelineGateTimes
          val suspects = gateTimes.toSeq.sortBy(_._1).collect {
            case (name, (med, spread)) if selected.contains(name) &&
                base.get(name).exists(b => graft.engine.PlanGate
                  .timeRegressionFires(b, med, spread)) => name
          }
          pipelineGateTimes.toSeq.sortBy(_._1).foreach {
            case (name, (med, spread)) =>
              if (base.get(name).exists(b => graft.engine.PlanGate
                  .timeRegressionFires(b, med, spread)))
                println(s"BENCH_DETAIL time_violation_note $name fires as a " +
                  "one-shot (session-cached pipeline build - not " +
                  "re-measurable in-run)")
          }
          val reTimes: Map[String, (Double, Double)] = suspects.flatMap {
            name =>
              val raw = (1 to 3).flatMap { _ =>
                val t0 = System.nanoTime()
                val ok = try { selected(name)(spark, sfDir).count(); true }
                         catch { case _: Throwable => false }
                if (ok) Some((System.nanoTime() - t0) / 1e9) else None
              }
              val orig = gateTimes(name)._1
              if (raw.size < 3) {
                println(s"BENCH_DETAIL time_violation_remeasure $name " +
                  "retry failed - main-loop verdict stands")
                None
              } else {
                val med2 = raw.sorted.apply(1)
                val spread2 = if (med2 > 0) (raw.max - raw.min) / med2 else 0.0
                if (med2 < orig) {
                  val still = base.get(name).exists(b => graft.engine
                    .PlanGate.timeRegressionFires(b, med2, spread2))
                  println(f"BENCH_DETAIL time_violation_remeasure $name " +
                    f"main=$orig%.2f retry_med3=$med2%.2f spread=$spread2%.2f" +
                    f" -> ${if (still) "CONFIRMED" else "cleared"}")
                  Some(name -> ((med2, spread2)))
                } else {
                  println(f"BENCH_DETAIL time_violation_remeasure $name " +
                    f"main=$orig%.2f retry_med3=$med2%.2f -> CONFIRMED " +
                    "(retry not lower)")
                  None
                }
              }
          }.toMap
          val verdictTimes = mainTimes ++ reTimes
          (graft.engine.PlanGate.violations(fpNums.toMap, base,
            graft.queries.Q.designHxMap(SparkEntry.allQueries),
            graft.queries.Q.layoutRowsMap(SparkEntry.allQueries),
            graft.ops.Bucketing.registeredLayouts,
            verdictTimes),
            // Non-gating clean-floor exceedances (episode re-base, round
            // 16): visible in the artifact, never in the violations list.
            graft.engine.PlanGate.infoLines(base, verdictTimes))
        }
      } catch {
        // A gate-machinery failure (e.g. a mangled baseline row tripping
        // parseBaseline's require) must SURFACE as a violation, not read as
        // a clean run with every channel silently disabled.
        case e: Throwable =>
          println(s"[bench] plan gate failed: ${e.getMessage}")
          (Seq(s"plan_gate_error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"),
            Seq.empty)
      }
    // SCAN AUDIT (round 16, closing the silent-degradation class for
    // good): every index-serving row's "pruned by design" claim becomes
    // PER-RUN DATA — one extra execution per audited row (collect, so the
    // row's OWN plan runs and carries metrics), then every file scan in
    // the executed plan prints files-read vs the layout's on-disk total
    // (static pruning) and staticFilesNum (live DPP). The r14/r15 lesson:
    // two pruning claims in a row were decorative at runtime while their
    // plan-string pins stayed green; executed metrics are the only
    // evidence that cannot lie this way.
    // (row, layout tail, numFiles, staticFilesNum, on-disk files) — also
    // emitted as the machine-readable "scan_audit" artifact section.
    val auditRows = scala.collection.mutable.Buffer
      .empty[(String, String, Long, String, Long, Long)]
    if (only.isEmpty) {
      val scanAudit = Seq("ann_ivf_persisted", "ann_ivf_kmeans_persisted",
        "ann_ivf_pq_persisted", "ann_ivf_pq_append", "ann_ivf_pq_promoted",
        "retrieval_hybrid_served", "retrieval_maxsim_ivf_fwd",
        "retrieval_maxsim_ivf_persisted", "text_bm25_impact_topk",
        "tpch_q18_bucketed")
      for (name <- scanAudit if selected.contains(name)) try {
        val df = selected(name)(spark, sfDir)
        df.collect()
        val seen = scala.collection.mutable.Set.empty[String]
        for (f <- graft.engine.ScanMetrics.scans(df.queryExecution.executedPlan)) {
          val root = f.relation.location.rootPaths.headOption
            .map(_.toString).getOrElse("?")
          val local = root.stripPrefix("file:")
          if (local.startsWith("/tmp/") && seen.add(root)) {
            def m(n: String) = f.metrics.get(n).map(_.value).getOrElse(-1L)
            val total = graft.engine.ScanMetrics.parquetFilesUnder(local)
            val tail = local.split('/').takeRight(2).mkString("/")
            // numFiles <= 0 on a BUCKETED layout scan is the CATALOG
            // relation cache (round 17, closing the r16 "cached(0)" blind
            // spot with the actual mechanism): the table's file listing is
            // computed once per session, so the lazy selectedPartitions —
            // and the driver metrics it posts — belong to the layout-build
            // execution, not this one. The scan itself RAN (its
            // numOutputRows are this row's rows); the uncached datum is
            // the relation's own file listing, which is exactly the file
            // set a bucketed serve reads (no bucket pruning is claimed —
            // the layout's claim is zero exchanges, gated separately).
            val nf = m("numFiles")
            val (filesVal, status) =
              if (nf > 0) (nf, "executed")
              else (f.relation.location.inputFiles
                .count(_.endsWith(".parquet")).toLong, "listed")
            println(s"BENCH_DETAIL scan_audit $name $tail " +
              s"files=$filesVal($status) staticDpp=${m("staticFilesNum")} " +
              s"onDisk=$total")
            auditRows += ((name, tail, filesVal, status,
              m("staticFilesNum"), total))
          }
        }
      } catch {
        case e: Throwable =>
          println(s"BENCH_DETAIL scan_audit $name failed: ${e.getMessage}")
      }
    }
    // SERVE-AMORTIZATION PIN (round 12): a persisted index whose serve
    // costs more than the in-session path it amortizes is backwards —
    // exactly the state retrieval_maxsim_ivf_persisted shipped in for one
    // round (14.0 s vs 5.7 s: tiny-files layout + file-count-limited
    // stage-1 parallelism). Pin the ratio so a layout regression fires the
    // gate; 1.25x margin absorbs median noise at these ~2-3 s rows.
    // Round 13: the pin generalizes to every persisted/in-session pair the
    // suite carries. Sub-second pairs need the ABSOLUTE gap guard (0.3 s,
    // the time channel's floor): the dense pairs sit at 0.4-0.9 s where a
    // 1.25x ratio is inside box noise — a pin that flaps on noise teaches
    // people to ignore it.
    val servePins: Seq[String] =
      Seq(("retrieval_maxsim_ivf_persisted", "retrieval_maxsim_ivf"),
          ("retrieval_maxsim_ivf_fwd", "retrieval_maxsim_ivf"),
          // Round-15 lifecycle forward serves: each bucketed-segment serve
          // must not cost more than the union-forward sibling it bounds.
          ("retrieval_maxsim_ivf_append_fwd", "retrieval_maxsim_ivf_append"),
          ("retrieval_maxsim_ivf_delete_fwd", "retrieval_maxsim_ivf_delete"),
          ("retrieval_maxsim_ivf_lifecycle_compacted_fwd",
            "retrieval_maxsim_ivf_lifecycle_compacted"),
          ("ann_ivf_kmeans_persisted", "ann_ivf_kmeans"),
          ("ann_ivf_pq_persisted", "ann_ivf_pq_topk")).flatMap {
        case (per, ins) =>
          (finalResults.get(per), finalResults.get(ins)) match {
            case (Some((p, _, false)), Some((i, _, false)))
                if p > i * 1.25 && p - i > 0.3 =>
              // PER-PAIR MEDIANS RE-MEASURE (round 16, porting the scale
              // sweep's r15 discipline to the driver path): the main-loop
              // medians of a pair are measured minutes apart, so an
              // episode onset BETWEEN them skews the ratio — r15's
              // artifact shipped `append_fwd 5.02 > 1.25x 3.00` this way
              // while every adjacent measurement said the opposite.
              // Re-run BOTH rows back-to-back, medians-of-3, and verdict
              // on those; a cleared firing is recorded as detail, not
              // hidden.
              def med3(name: String): Option[Double] = {
                val ts = (1 to 3).flatMap { _ =>
                  val t0 = System.nanoTime()
                  val ok = try { selected(name)(spark, sfDir).count(); true }
                           catch { case _: Throwable => false }
                  if (ok) Some((System.nanoTime() - t0) / 1e9) else None
                }
                if (ts.size == 3) Some(ts.sorted.apply(1)) else None
              }
              (med3(per), med3(ins)) match {
                case (Some(p2), Some(i2)) if p2 > i2 * 1.25 && p2 - i2 > 0.3 =>
                  Some(f"serve_pin: $per $p2%.2fs > 1.25x $ins $i2%.2fs" +
                    f" (per-pair medians-of-3; main-loop $p%.2f vs $i%.2f)")
                case (Some(p2), Some(i2)) =>
                  println(f"BENCH_DETAIL serve_pin_cleared $per $p2%.2fs vs" +
                    f" $ins $i2%.2fs (main-loop firing $p%.2f > 1.25x" +
                    f" $i%.2f was adjacent-measurement skew)")
                  None
                case _ =>
                  Some(f"serve_pin: $per $p%.2fs > 1.25x $ins $i%.2fs" +
                    " (re-measure failed; main-loop verdict stands)")
              }
            case _ => None
          }
      }
    val allViolations = gateViolations ++ servePins
    allViolations.foreach(v => println(s"BENCH_DETAIL plan_gate VIOLATION $v"))
    gateInfo.foreach(v => println(s"BENCH_DETAIL plan_gate INFO $v"))
    // Full per-query detail for humans (NOT the machine-read line).
    pipelineTimes.foreach { case (k, v) =>
      println(f"BENCH_DETAIL pipeline:$k ${v}%.3f")
    }
    pipelineFailures.foreach(k => println(s"BENCH_DETAIL $k FAILED"))
    finalResults.toSeq.sortBy(-_._2._1).foreach { case (k, (med, spread, failed)) =>
      val tag = if (healApplied.contains(k) || secondHeal.contains(k)) " healed"
        else ""
      val fp = fingerprints.get(k).map(" fp={" + _ + "}").getOrElse("")
      if (failed) println(s"BENCH_DETAIL $k FAILED")
      else println(f"BENCH_DETAIL $k $med%.3f spread=$spread%.2f$tag$fp")
    }
    // Full machine-readable detail (SPARK_GRAFT_BENCH_OUT=<file>): every
    // row's median/spread + plan fingerprint, for BENCH_LOCAL_r* authoring
    // and round-over-round fingerprint diffs — deliberately NOT on stdout
    // (the driver's tail buffer).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      def r2b(v: Double): Double = math.round(v * 100.0) / 100.0
      val rows = finalResults.toSeq.sortBy(_._1).map {
        case (k, (med, spread, failed)) =>
          val base =
            if (failed) s""""failed":true"""
            else s""""median_s":${r3(med)},"warm_spread":${r2b(spread)}"""
          val fp = fingerprints.get(k).map("," + _).getOrElse("")
          s""""$k":{$base$fp}"""
      }.mkString(",")
      val pls = pipelineTimes.map { case (k, v) => s""""$k":${r3(v)}""" }
        .mkString("{", ",", "}")
      val rec = recallAll.map { case (k, v) => s""""$k":${r3(v)}""" }
        .mkString("{", ",", "}")
      val swp = sweepResults.map(r =>
          s""""${r.name}":{"recall":${r3(r.recall)},"build_s":${r3(r.buildS)},"serve_s":${r3(r.serveS)}}""")
        .mkString("{", ",", "}")
      val bpe = bpeSweep.map { case (k, s, n, mt) =>
          s""""k$k":{"train_s":${r3(s)},"merges":$n,"mean_tokens":${r3(mt)}}"""
        }.mkString("{", ",", "}")
      val msw = maxsimSweep.map { case (pt, ov, secs) =>
          s""""$pt":{"overlap":${r3(ov)},"serve_s":${r3(secs)}}"""
        }.mkString("{", ",", "}")
      val segSw = bm25SegSweep.map { case (nseg, secs) =>
          s""""nseg$nseg":${r3(secs)}"""
        }.mkString("{", ",", "}")
      val prbSw = probeSweep.map { case (fam, n, secs) =>
          s""""$fam:q$n":${r3(secs)}"""
        }.mkString("{", ",", "}")
      def jq(s: String): String =
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val gate = allViolations.map(jq).mkString("[", ",", "]")
      val gInfo = gateInfo.map(jq).mkString("[", ",", "]")
      // "status" mirrors the printed files=N(status) marker (r16 advice +
      // verdict #3): "executed" = the scan's own driver metrics;
      // "listed" = the catalog relation cache pre-computed the listing, so
      // the number is the relation's file inventory — a JSON consumer can
      // tell the two apart, and neither reads as "layout read zero files".
      val audit = auditRows.map { case (row, layout, nf, status, snf, total) =>
          s"""{"row":${jq(row)},"layout":${jq(layout)},"files":$nf,""" +
            s""""status":${jq(status)},"static_dpp":$snf,"on_disk":$total}"""
        }.mkString("[", ",", "]")
      val maint = maintRecall.map(r =>
          s"""{"point":"${r.name}","appended":${r3(r.appended)},"retrained":${r3(r.retrained)},"append_s":${r3(r.appendS)},"retrain_s":${r3(r.retrainS)}}""")
        .getOrElse("null")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"reps":$reps,"sf":"$sfDir","pipelines_s":$pls,"recall_at_10":$rec,"recall_sweep":$swp,"maint_recall":$maint,"bpe_sweep":$bpe,"maxsim_sweep":$msw,"bm25_seg_sweep":$segSw,"probe_sweep":$prbSw,"plan_gate_violations":$gate,"plan_gate_info":$gInfo,"scan_audit":$audit,"queries":{$rows}}""")
      println(s"[bench] wrote $out")
    }
    // The driver keeps only a ~2000-char tail of this process's output and
    // parses the one JSON line it finds there. 130+ query timings overflow
    // that buffer (rounds 1 and 2 both landed "parsed": null), so the final
    // line carries ONLY the headline subset, rounded. Round 9 regressed
    // this: the sweep/pipeline sections grew the line past 2000 chars, the
    // tail cut off the "{"metric" prefix, and the driver recorded
    // parsed: null. Two defenses now: (a) the bulky evidence sections
    // (pipelines, recall_sweep, bpe_sweep) ride a PREFIXED detail line just
    // above (greppable, never parsed as the machine line); (b) the final
    // line is assembled under an explicit size budget — headline rows are
    // added in order only while the rendered line stays under budget, and
    // any drop is reported on a BENCH_DETAIL line.
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
    def r2(v: Double): Double = math.round(v * 100.0) / 100.0
    // Headline values are SCALAR medians — the driver contract's
    // {"name": sec} form (round 18, the r17 verdict's #1: the [med,spread]
    // pairs of rounds 6-17 deviated from the contract and the driver's PERF
    // per-query channel came up empty both optimization rounds). Per-row
    // spreads still ride every BENCH_DETAIL line and the BENCH_OUT artifact;
    // the headline keeps the global spread_med/spread_max contention signal.
    // Coverage: the historical headline list first (stable name prefix
    // across rounds), then EVERY remaining successful row by descending
    // median — the expensive rows are where a regression matters — added
    // while the line fits the tail budget. The complete map additionally
    // rides the prefixed BENCH_QUERIES line below for full-stdout consumers.
    // Failed rows are reported ONLY via the failed array — a -1 sentinel in
    // the timings map would poison any consumer summing/plotting medians.
    val restByCost = finalResults.toSeq.collect {
      case (k, (med, _, false)) if !headline.contains(k) => (k, med)
    }.sortBy { case (k, med) => (-med, k) }.map(_._1)
    val headlineEntries = (headline ++ restByCost).flatMap(k =>
      finalResults.get(k).filter(!_._3).map(v => s""""$k":${r3(v._1)}"""))
    // Complete per-query median map on ONE prefixed line (r17 verdict #1:
    // PERF_r17 had n_common 0 because no complete map existed anywhere in
    // stdout). Printed here — above the aux + final lines, whose ~3 KB keep
    // it safely outside the driver's 2000-char tail — and prefixed so it can
    // never be mistaken for the machine line.
    val fullMap = finalResults.toSeq.sortBy(_._1).collect {
      case (k, (med, _, false)) => s""""$k":${r3(med)}"""
    }.mkString(",")
    println(s"""BENCH_QUERIES {"queries":{$fullMap}}""")
    val ps = pipelineTimes.map { case (k, v) => s"\"$k\":${r3(v)}" }
      .mkString("{", ",", "}")
    val failedNames = (finalResults.collect { case (k, (_, _, true)) => k }.toSeq ++
      pipelineFailures).sorted.map(k => s"\"$k\"").mkString("[", ",", "]")
    // Only APPLIED heals ride the headline (round 15): spread-trips whose
    // retry confirmed the original median are heal_noop detail lines.
    val healedNames = (healApplied.keySet ++ secondHeal.keySet).toSeq.sorted
      .map(n => s""""$n"""").mkString("[", ",", "]")
    // Spread aggregates: the artifact-embedded contention signal. A clean
    // box shows median relative spread of a few percent; a contended one
    // shows large spreads exactly on the queries whose medians moved.
    val ok = finalResults.values.filter(!_._3)
    val spreads = ok.map(_._2).toSeq.sorted
    val spreadMed = if (spreads.isEmpty) 0.0 else spreads(spreads.size / 2)
    val spreadMax = if (spreads.isEmpty) 0.0 else spreads.last
    // total = pipeline builds + all query MEDIANS (the whole session's
    // work, so it stays comparable with rounds 1-5 where builds hid inside
    // queries / queries were single-shot). Failed rows are excluded.
    val total = ok.map(_._1).sum + pipelineTimes.map(_._2).sum
    // recall_at_10 rides the driver line too: 3 compact entries (~90 chars)
    // that make retrieval-quality regressions visible round-over-round.
    val rec = recallAll.map { case (k, v) => s""""$k":${r3(v)}""" }
      .mkString("{", ",", "}")
    // recall_sweep: [recall, serve_s] per operating point (~250 chars for
    // 7 points — build costs live in the full BENCH_OUT table). Sweep
    // seconds are NOT in `value`: the sweep is evidence gathering, not a
    // serving workload, and folding it in would break round-over-round
    // total comparability.
    val swp = sweepResults
      .map(r => s""""${r.name}":[${r3(r.recall)},${r2(r.serveS)}]""")
      .mkString("{", ",", "}")
    // bpe_sweep: [train_s, merges, mean_tokens] per k (~120 chars).
    val bpe = bpeSweep
      .map { case (k, s, n, mt) => s""""k$k":[${r2(s)},$n,${r3(mt)}]""" }
      .mkString("{", ",", "}")
    // plan_gate: the violation COUNT rides the headline (0 = clean);
    // messages live in BENCH_DETAIL + the full BENCH_OUT artifact.
    // maint_recall: [appended, retrained] at the best clustered point.
    val maint = maintRecall
      .map(r => s"[${r3(r.appended)},${r3(r.retrained)}]").getOrElse("null")
    // Bulky evidence sections (grew the r9 final line past the driver's
    // tail buffer) ride a PREFIXED line: greppable for humans and
    // BENCH_LOCAL authoring, invisible to the driver's JSON-line parse.
    println(s"""BENCH_DETAIL aux {"recall_sweep":$swp,"bpe_sweep":$bpe,"pipelines":$ps}""")
    // Assemble the machine line under a hard size budget: fixed sections
    // first, then headline rows in order while the line still fits. The
    // driver's tail capture is ~2000 chars — any final line longer than
    // that loses its "{"metric" prefix and parses as null (BENCH_r09).
    // Violation MESSAGES ride the driver line too (round 14, the r13
    // verdict's auditability gap: BENCH_r13 carried the bare count 4 and
    // the 2000-char tail truncated every detail line, so the driver
    // artifact was un-auditable without its local twin). Capped at 5
    // messages × 110 chars — the count above says when the cap truncated;
    // headline rows below already yield under the same size budget.
    def jvq(cap: Int)(s: String): String =
      "\"" + s.take(cap).replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def fixedWith(violJson: String): String =
      s""""unit":"sec","n":${finalResults.size},"reps":$reps,""" +
        s""""spread_med":${r3(spreadMed)},"spread_max":${r3(spreadMax)},""" +
        s""""failed":$failedNames,"healed":$healedNames,""" +
        s""""plan_gate_violations":${allViolations.size},""" +
        s""""violations":$violJson,""" +
        s""""recall_at_10":$rec,"maint_recall":$maint"""
    val budget = 1800
    // The violations array rides the FIXED section, which never yields
    // under the budget — only headline rows do. Long failed/healed lists
    // plus 5×110-char messages can push the fixed section alone past the
    // driver tail (the BENCH_r09 null-parse). Degrade the messages (fewer,
    // then shorter, then count-only) until the zero-headline render fits.
    val violJson = Seq((5, 110), (3, 110), (3, 60), (1, 60), (0, 0))
      .iterator
      .map { case (k, cap) =>
        allViolations.take(k).map(jvq(cap)).mkString("[", ",", "]") }
      .find { vj =>
        (s"""{"metric":"total","value":${r3(total)},${fixedWith(vj)},""" +
          s""""queries":{},"sf":"$sfDir"}""").length <= budget }
      .getOrElse("[]")
    val fixed = fixedWith(violJson)
    def render(entries: Seq[String]): String =
      s"""{"metric":"total","value":${r3(total)},$fixed,""" +
        s""""queries":${entries.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    // takeWhile semantics: stop at the FIRST entry that doesn't fit, so the
    // surviving prefix is an unambiguous "first N headline rows" (a per-
    // entry filter could drop an oversized middle row while appending later
    // ones, making the drop-count message ambiguous about which survived).
    val keptEntries = {
      var acc = List.empty[String]
      var full = false
      for (e <- headlineEntries if !full) {
        if (render((e :: acc).reverse).length <= budget) acc = e :: acc
        else full = true
      }
      acc.reverse
    }
    if (keptEntries.size < headlineEntries.size)
      println(s"BENCH_DETAIL headline dropped " +
        s"${headlineEntries.size - keptEntries.size} rows to fit the " +
        s"driver tail budget (full table in BENCH_OUT)")
    val line = render(keptEntries)
    println(line)
    spark.stop()
  }
}
