package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Catalog, PlanGate}
import graft.ops.AnnSweep.overlap
import graft.queries.{CorpusQ, SimilarityQ, TrainQ}

/** 10×/1× scaling sweep (dev harness, like [[StressBench]]): materialize a
  * referentially-consistent 10× replica of the testdata tables on disk, run
  * the heavy conformance queries at BOTH scales through the exact
  * `SparkEntry.queries` entry points, and print the wall-time ratio table.
  *
  * The pass bar is near-linear scaling: ratio ≈ 10 (≤ ~12 allowing fixed
  * overheads to amortize oddly at toy scale); a super-linear outlier names
  * the next plan audit. Sub-linear ratios are expected for queries dominated
  * by fixed costs (codegen, microbatch commits) at 1×.
  *
  * The 1× pass also carries the evidence sections (MaxSim operating
  * points, BM25 segment count, probe axis, IVF-PQ recall/cost, maintenance
  * recall, BPE vocabulary size), and the MaxSim kc rows carry overlap@10 vs
  * the exact serve at 1×. Every row is timed through [[Runs]].
  *
  * Memory: run ≥100× sweeps with `SPARK_DRIVER_MEM=24g` (build.sbt's -Xmx
  * hook) — the single local JVM holds the session-scoped pipeline caches
  * AND the dimension broadcasts at replica scale; the 8g default OOMs on
  * broadcast build ("Not enough memory to build and broadcast").
  *
  * Replication: 10 copies with every KEY-domain column offset by k·10⁹ per
  * clone k — orderkey offsets match between orders and lineitem, custkey
  * between customer and orders, etc., so join cardinalities scale exactly
  * 10× while tiny dims (nation, region) stay shared, like 10 TPC-H databases
  * unioned. Events get 10× the users at the same per-user history depth;
  * documents get 10× docs, so every near-dup family and LSH bucket grows
  * 10× — exactly the load the skew caps exist for.
  */
object ScaleSweep {

  private val Off = 1000000000L

  /** Key-domain columns to offset per clone (referential integrity: the
    * same domain gets the same offset everywhere it appears). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The 10× sweep set: every query above ~1 s in the round-4 bench plus
    * one representative per heavy family. Streaming rows ARE swept (the
    * source handles both the single-file testdata layout and the replica's
    * parquet directories — Streams.tableStream): micro-batch rows scale on
    * state-store size + per-batch planning, not shuffle width, so their
    * ratios read differently — see the state-size note in the sweep
    * artifact / STATUS. */
  private val sweep: Seq[String] = Seq(
    // ann_bruteforce_topk is NOT swept (round 13): it is the dense
    // exactness baseline whose WORK is |Q|·|V| — with the probe set
    // scaling alongside the corpus, factor 10 is 100× the pair scorings
    // BY CONSTRUCTION, the same attribution that excludes
    // retrieval_maxsim_topk / retrieval_hybrid_batch / dedup_semantic.
    // It rode the sweep through r12 only because its wall ratio
    // incidentally landed under the threshold (×9.26); measured for the
    // record in r13: med ratio 22.1 at factor 10 (0.19 → 4.31 s) —
    // sub-linear in WORK (×100), super-linear in data, exactly the
    // excluded class. Its scale path (ann_ivf_* serves) stays swept.
    // The in-session counterparts (ann_ivf_kmeans, ann_ivf_pq_topk) ride
    // the sweep too (round 14): the scale-level serve-amortization pin
    // compares each persisted serve against its in-session path, and two
    // of its three pairs were dead letters without them (the r13 advice —
    // tNmap.get(ins) was always None, so only the maxsim pair pinned).
    "ann_ivf_kmeans", "ann_ivf_kmeans_persisted", "ann_ivf_persisted",
    "ann_pq_codes", "ann_ivf_pq_topk", "ann_ivf_pq_persisted",
    "ann_ivf_pq_append", "ann_ivf_pq_delete",
    // full_probe scores |Q|·|V| candidates by construction (every cell
    // admitted) — swept at 10× like the bruteforce exactness baseline,
    // excluded at 100× for the same |Q|-scales-with-corpus reason.
    "ann_ivf_pq_full_probe",
    "ann_ivf_pq_compacted", "sample_cluster_quota",
    "anomaly_rolling_z", "anomaly_rolling_z_bucketed",
    "basket_part_pairs",
    "bpe_pair_counts", "bpe_train_merges", "bpe_tokenize_corpus",
    "corpus_refinery",
    "dedup_clusters", "dedup_containment", "dedup_incremental",
    // retrieval_hybrid_batch is NOT swept: like dedup_ngram_jaccard_exact
    // it is an exactness baseline whose WORK is |P|·|V| — quadratic under
    // replication by construction (measured once: med 56.8× at factor 10
    // for 100× the pair scorings — sub-linear in work, super-linear in
    // data). Its scale path swaps in the IVF serve + an impact-ordered
    // index (see the row's comment); the fusion stage itself is
    // rank-lists-in/rank-lists-out and scales with |P|·k.
    // dedup_semantic is NOT swept — like dedup_ngram_jaccard_exact and
    // retrieval_hybrid_batch it is quadratic under replication BY
    // CONSTRUCTION: the session model's K is fixed, so 10× replication
    // grows every cell 10× (pairs ×100) and clones form cosine-1.0
    // cliques. Measured once for transparency: med 0.32 s → 15.08 s at
    // factor 10 (×47.7 wall for ×100 pair scorings — sub-linear in WORK).
    // The scale path is the row's own: K grows with the corpus to hold
    // cells at constant size.
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_spans", "drift_tvd_bins", "er_jaro_winkler",
    "er_resolve_entities", "export_training_shards",
    "feature_quantile_bin", "feature_robust_scale",
    "funnel_conversion", "funnel_conversion_bucketed",
    "funnel_strict_window",
    "graph_bfs_distance",
    "graph_kcore",
    // Σ deg² wedge budget, same attribution as graph_triangles: near-dup
    // family degrees grow with clone replication, so 10×-only.
    "graph_common_neighbors",
    "graph_label_propagation", "graph_weighted_distance",
    "graph_pagerank", "graph_triangles", "pack_sequences",
    // Promoted IVF-PQ serve: |Q| scales with the corpus (every 100th id
    // probes), so 10×-only like the other ann_* serve shapes.
    "ann_ivf_pq_promoted",
    // Two brute-force passes (|Q|·|V| each) — swept at 10× with the same
    // work-scales-with-output attribution as ann_bruteforce_topk.
    "embed_matryoshka_topk",
    // retrieval_maxsim_topk is NOT swept (the hybrid_batch class): both
    // the probe-token set AND the per-(query token, doc) max-group
    // cardinality scale with the corpus, so factor 10 is 100× the work
    // AND 100× the aggregation state by construction — measured once for
    // transparency (1× 1.4 s; the factor-10 point aborted past 16 min,
    // dominated by the ~100M-group partial max). Its scale path EXISTS as
    // of round 11 and IS swept below: retrieval_maxsim_ivf probes a
    // token-level IVF per query token and runs the identical MAX/fold on
    // bounded candidates only (stage-2 state = |q_tokens|·MsT per query,
    // corpus-independent). Like every ann_* serve it stays 10×-only —
    // the probe set (every 250th doc) itself scales with the corpus.
    // The IVF MaxSim serves pin their probe set to BASE doc ids (see
    // queryTokens's scaladoc): the sweep measures a FIXED query workload
    // against a growing corpus — work linear in corpus tokens (stage-1
    // candidate share; stage-2 is |q_tok|·T-bounded), so they also ride
    // the ≥100× linear set. The first, unpinned measurement is kept for
    // the record: |Q|×10 · cells×10 read 4.25 s → 138 s (×32 wall for
    // ×100 pairs — sub-linear in WORK, super-linear in data), exactly the
    // embarrassingly-parallel workload axis the pin removes.
    "retrieval_maxsim_ivf", "retrieval_maxsim_ivf_persisted",
    // The doc_id-bucketed forward serve (round 14): same fixed query
    // workload, stage-2 scan partition-pruned to candidate buckets —
    // linear like its cells-as-forward sibling, pinned by the same
    // serve-amortization pair at every factor.
    "retrieval_maxsim_ivf_fwd",
    // Impact-ordered BM25 serve: 3 bucket-pruned posting prefixes + a
    // bounded candidate rescore — linear work, constant output (also in
    // the ≥100× linear set below). The all-index hybrid (single probe,
    // two ≤50-row rank lists) is likewise linear.
    "text_bm25_impact_topk", "retrieval_hybrid_served",
    "text_bm25_impact_append", "text_bm25_impact_compacted",
    "text_bm25_impact_multiseg", "text_bm25_impact_multiseg_compacted",
    // Round-13 lifecycle + fixture rows: tombstone-filtered serves are the
    // plain serves plus one anti-join (linear); the bigvocab rows run the
    // identical serve shapes over the salted corpus (vocabulary capped at
    // 31·257 regardless of factor, so only the token stream scales).
    "text_bm25_impact_delete", "text_bm25_impact_delete_compacted",
    "text_bm25_bigvocab_topk", "retrieval_maxsim_ivf_bigvocab",
    "retrieval_maxsim_ivf_append", "retrieval_maxsim_ivf_delete",
    "retrieval_maxsim_ivf_lifecycle_compacted",
    // Round-15 bucketed-forward lifecycle serves: identical stage-1 shapes,
    // stage-2 DPP-pruned per forward segment — linear like their
    // union-forward siblings, which they must not exceed (serve pin below).
    "retrieval_maxsim_ivf_append_fwd", "retrieval_maxsim_ivf_delete_fwd",
    "retrieval_maxsim_ivf_lifecycle_compacted_fwd",
    "mv_affected_group_refresh", "retrieval_rrf_fusion",
    "profile_columns",
    "rfm_segmentation", "s12_snapshot_diff", "sample_bottomk",
    "sample_temperature", "scd2_user_state", "select_dsir_importance",
    "text_decontaminate_surgical",
    "sessionize_events", "stats_percentiles_distributed",
    "text_collocations_pmi", "text_tfidf_topk", "train_preference_pairs",
    "train_skipgram_pairs", "sample_priority_weighted", "select_pareto_front",
    "stream_ann_serve", "stream_mv_refresh", "stream_mv_refresh_partitioned",
    "stream_stream_join", "stream_dedup_events",
    "stream_incremental_dedup_sink",
    "sql_lateral_topk", "sql_variant_extract",
    "stats_percentiles_grouped", "text_bm25_topk", "text_inverted_index",
    "tpch_q1_pricing_summary", "tpch_q5_local_supplier",
    "tpch_q9_profit_proxy", "tpch_q18_large_orders",
    "tpch_q18_bucketed", "tpch_q21_waiting_supplier",
    "tpch_q21_bucketed", "ts_ewma_current", "ts_interpolate_linear",
    "w2_running_sum")

  /** The ≥100× sweep set: only queries whose WORK and OUTPUT scale
    * linearly in the inputs. Clone replication makes every pair relation
    * quadratic in family size (a semantic fact, measured at 10×) and
    * multiplies the ANN probe set with the corpus (|Q|·|V| work) — those
    * shapes measure output blow-up, not plan scaling, so they are
    * excluded here and their boundedness is pinned by the capped
    * StressBench runs instead. */
  private val sweepLinear: Seq[String] = Seq(
    "ann_pq_codes", "anomaly_rolling_z", "anomaly_rolling_z_bucketed",
    "basket_part_pairs",
    "bpe_pair_counts", "bpe_train_merges", "bpe_tokenize_corpus",
    "dedup_content_hash",
    "dedup_exact", "drift_tvd_bins", "embed_l2_normalize",
    "events_user_features",
    "events_user_features_bucketed",
    "feature_quantile_bin", "feature_robust_scale",
    "funnel_conversion", "funnel_conversion_bucketed",
    "funnel_strict_window",
    "islands_error_streaks",
    // MV refresh / snapshot diff / RRF: delta-bounded probes, one
    // full-outer key join, and fixed-size top-k lists respectively — all
    // linear work with linear (or constant) output under replication.
    "mv_affected_group_refresh", "retrieval_rrf_fusion", "s12_snapshot_diff",
    "pack_sequences", "profile_columns", "rfm_segmentation", "sample_bottomk",
    "sample_cluster_quota", "sample_temperature", "select_dsir_importance",
    "text_decontaminate_surgical",
    "scd2_user_state", "sessionize_events", "sql_lateral_topk",
    "sql_variant_extract", "stats_percentiles_distributed",
    // Micro-batch rows with linear work: state is watermark-bounded (join
    // buffers / dedup keys expire), so 100x grows data volume, not
    // retained state. The incremental-dedup sink stays 10x-only — its
    // within-batch pair mining is quadratic in clone families.
    "stream_stream_join", "stream_dedup_events", "stream_mv_refresh",
    "stream_mv_refresh_partitioned",
    "stats_percentiles_grouped", "text_bm25_topk", "text_bm25_impact_topk",
    "text_bm25_impact_append", "text_bm25_impact_compacted",
    "text_bm25_impact_multiseg", "text_bm25_impact_multiseg_compacted",
    // Round-13 rows with linear work AND fixed query workloads (the maxsim
    // serves pin probes to base ids; the bm25 terms are fixed) — the
    // ann_ivf_pq_delete row stays 10×-only like every other ann_* serve
    // (its probe set scales with the corpus).
    "text_bm25_impact_delete", "text_bm25_impact_delete_compacted",
    "text_bm25_bigvocab_topk", "retrieval_maxsim_ivf_bigvocab",
    "retrieval_maxsim_ivf_append", "retrieval_maxsim_ivf_delete",
    "retrieval_maxsim_ivf_lifecycle_compacted",
    "retrieval_maxsim_ivf_append_fwd", "retrieval_maxsim_ivf_delete_fwd",
    "retrieval_maxsim_ivf_lifecycle_compacted_fwd",
    "retrieval_hybrid_served",
    "retrieval_maxsim_ivf", "retrieval_maxsim_ivf_persisted",
    "retrieval_maxsim_ivf_fwd",
    "text_collocations_pmi", "text_inverted_index", "text_tfidf_topk",
    "text_quality", "text_token_count", "train_preference_pairs",
    // Skip-gram pairs: array-local window transforms, linear in tokens;
    // priority sample: TakeOrdered top-(k+1), constant output; Pareto
    // front: one group + one window over the bounded distinct-ratio table.
    "train_skipgram_pairs", "sample_priority_weighted", "select_pareto_front",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue", "tpch_q9_profit_proxy",
    "tpch_q18_large_orders", "tpch_q18_bucketed",
    "tpch_q21_waiting_supplier", "tpch_q21_bucketed",
    "ts_ewma_current", "ts_interpolate_linear",
    "ts_ohlc_hourly", "w2_running_sum", "w5_trailing_hour_range")

  /** Pipelines whose WORK scales linearly — safe to time at any factor.
    * The LSH pair/component builds are excluded past 10× for the same
    * quadratic-output reason as the pair-mining queries. */
  private val linearPipelines = Set(
    "bucketed_orderkey_layout", "custkey_layout", "userkey_layout",
    "zorder_layout", "xml_export", "minhash_dedup_index",
    "lloyd_kmeans", "kmeans_ivf_index", "pq_codebooks", "ivf_pq_index",
    "pq_resid_codebooks", "ivf_pq_delta", "ivf_pq_compact",
    // ivf_pq_promoted is 10×-only like the LSH builds, but for COST not
    // shape: the build is linear (n·k·m-row broadcast joins, measured
    // ratio 7.34 at 10×) yet carries a 128× constant vs the cost-floor
    // build (k 8→256, m 4→16), so the 100× point is ~50 min of wall for a
    // slope the 10× point already pins.
    "bpe_model", "cents_ranks", "cents_ranks_grouped",
    // Vocabulary-bounded Lloyd (maxsim), its cluster-partitioned cell
    // write, and one posting-table pass with a per-term rank window
    // (bm25) — all linear in corpus tokens.
    "maxsim_token_ivf", "maxsim_ivf_index", "maxsim_forward",
    "bm25_impact_index",
    "bm25_impact_delta", "bm25_impact_compact",
    "bm25_impact_segments", "bm25_multiseg_compact",
    // Round-13 lifecycle/fixture builds: tombstone writes are O(|deletes|),
    // delta/compaction cells and the bigvocab indexes are one linear pass
    // each (same shapes as their base builds).
    "maxsim_token_ivf_big", "maxsim_ivf_index_big",
    "maxsim_ivf_delta", "maxsim_ivf_tombstones",
    "maxsim_ivf_compact", "bm25_tombstones", "bm25_tombstone_compact",
    "bm25_bigvocab_index", "ivf_pq_tombstones",
    // Round-15 forward segments: one linear pass each over cells (base,
    // delta) or over the forward components themselves (compact merge).
    "maxsim_forward_big", "maxsim_forward_delta", "maxsim_forward_compact")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    require(factor >= 2 && factor.toLong * Off <= Long.MaxValue / 4)
    val spark = graft.engine.GraftSession.local("graft-scale-sweep")
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_REPLICA_DIR reuses a replica built by a previous sweep at
    // the SAME (sfDir, factor) — the replication is deterministic, so the
    // bytes are identical and the (expensive) rebuild can be skipped.
    val dst = sys.env.getOrElse("SPARK_GRAFT_REPLICA_DIR", {
      // Deliberately NOT TempDirs.create (delete-at-exit): the replica is
      // the one session artifact MEANT to outlive the JVM — a later sweep
      // at the same (sfDir, factor) reuses it via SPARK_GRAFT_REPLICA_DIR
      // to skip the expensive rebuild. The caller owns its lifetime.
      val d = java.nio.file.Files.createTempDirectory(s"graft_${factor}x").toString
      Catalog.tableNames.foreach { t =>
        // Raw read under the resolved schema (no ts normalization) so the
        // replica round-trips bytes: events.ts keeps its stored type
        // (TIMESTAMP_MICROS naive in the test data, or TIMESTAMP(NANOS) read
        // as INT64), and Catalog.load normalizes either from the replica.
        val src = spark.read.schema(Catalog.schema(spark, sfDir, t)).parquet(Catalog.path(sfDir, t))
        val out = keyCols.get(t) match {
          case None => src
          case Some(keys) =>
            // One plan branch for any factor: cross the replica index in and
            // offset every key domain by k·Off.
            val crossed = src.crossJoin(
              spark.range(factor).withColumnRenamed("id", "_k"))
            keys.foldLeft(crossed)((d, c) =>
              d.withColumn(c, col(c) + col("_k") * lit(Off))).drop("_k")
        }
        out.write.mode("overwrite").parquet(Catalog.path(d, t))
      }
      d
    })
    println(s"[sweep] ${factor}x replica at $dst")

    // Pair-mining and |Q|-scaling shapes are only meaningful at 10× (their
    // OUTPUT is quadratic under replication); past that, sweep the
    // linear-work subset. .distinct: a name listed twice would run twice
    // per scale and pair the first entry's ratio with the warm second run.
    val names = (if (factor <= 10) sweep else sweepLinear).distinct
      .filter(Runs.picked)
    // A row that throws is printed with its cause, listed in the artifact's
    // `failed` list and left out of the ratio table; the sweep goes on.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def untimed[T](name: String, dir: String)(f: => T): Option[T] =
      try Some(f) catch { case e: Throwable =>
        failed += name
        println(s"[sweep] $name @ $dir FAILED: ${Runs.cause(e)}")
        None
      }
    def row[A, B](name: String, dir: String)(build: => A)(action: A => B)
        : Option[Runs.Run[B]] = {
      println(s"[sweep] running $name @ $dir")
      untimed(name, dir)(Runs.time(build)(action).fold(e => throw e, identity))
    }
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_doc", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exact MaxSim answer sets at 1× (the exact serves are not swept):
    // retrieval_maxsim_topk, and on the bigvocab fixture the full-probe
    // serve (every cell admitted, unbounded T — provably the exact MaxSim
    // ranking). Overlap@10 against them rides the kc axis and the
    // operating-point section like the dense family's recall.
    lazy val msTruth = pairs(SparkEntry.queries("retrieval_maxsim_topk")(spark, sfDir))
    lazy val msBigTruth = pairs(SimilarityQ.maxsimServeAtKc(spark, sfDir, 8,
      nprobe = 8, candT = Int.MaxValue, big = true))
    val kcOverlap = scala.collection.mutable.Map.empty[String, Double]

    def runAll(dir: String): Seq[(String, Double)] = {
      val (pipelines, pipelineFailures) = Runs.frontPipelines(spark, dir, "[sweep]",
        SparkEntry.pipelines.filter { case (name, _) => factor <= 10 || linearPipelines(name) })
      failed ++= pipelineFailures
      val queries = names.flatMap { name =>
        row(name, dir)(SparkEntry.queries(name)(spark, dir))(Runs.materialize)
          .map(name -> _.totalS)
      }
      // kc AXIS for the token-IVF serve (§9's sizing claim: kc scales with
      // the vocabulary to hold candidate share constant). Clone replication
      // grows the token STREAM but not the vocabulary, and the base
      // corpus's vocabulary is only 31 words, so its axis saturates: kc = 16
      // ≈ |vocab|/2 is the real scaled point, kc = 32 ≥ |vocab| the
      // degenerate endpoint (≈1 word per cell). kc = 32 stays 10×-only: a
      // probed cell is then a FULL word posting list, the exact-baseline
      // workload by construction. The bigvocab rows run the same serve on
      // the ~7.5k-word salted fixture, where the axis is off-saturation.
      // Quantizers train untimed; each row times the SERVE only (build +
      // collect of its id pairs) and, at 1×, carries overlap@10 vs exact.
      val kcRows =
        (if (factor <= 10) Seq(8, 16, 32) else Seq(8, 16))
          .map(kc => (s"maxsim_serve_kc$kc", kc, false)) ++
        (if (factor <= 10) Seq(8, 16, 32, 64, 128) else Seq(8, 32, 128))
          .map(kc => (s"maxsim_serve_bigkc$kc", kc, true))
      val kc = kcRows.filter(r => Runs.picked(r._1)).flatMap { case (name, kc, big) =>
        untimed(name, dir)(SimilarityQ.maxsimQuantizerAtKc(spark, dir, kc, big))
          .flatMap(q => row(name, dir)(
            SimilarityQ.maxsimServeQuantized(spark, dir, q, big = big))(pairs))
          .map { r =>
            if (dir == sfDir) untimed(name, dir)(overlap(
              if (big) msBigTruth else msTruth, r.result))
              .foreach(kcOverlap(name) = _)
            name -> r.totalS
          }
      }
      // FORWARD-BUCKET sensitivity axis (§9's sizing rule made data): the
      // bucketed-forward serve at two moduli. Serve cost should be
      // INSENSITIVE to the count while the PRUNED FRACTION moves; the scan
      // metrics carry the pruning evidence (post-DPP numFiles/filesSize vs
      // staticFilesNum/staticFilesSize). Layout build is untimed; 10×-only
      // like every serve axis. Cache-less layouts: a per-knob forward must
      // not evict the session's shared pipeline caches.
      val fwdRows = if (factor > 10) Seq.empty else
        Seq(32, 128).map(b => s"maxsim_fwd_b$b" -> b).filter(r => Runs.picked(r._1))
          .flatMap { case (name, b) =>
            untimed(name, dir)(SimilarityQ.maxsimFwdLayoutAtBuckets(spark, dir, b))
              .flatMap(layout => row(name, dir)(
                SimilarityQ.maxsimFwdServeAtBuckets(spark, dir, layout, b)) { df =>
                Runs.materialize(df); df })
              .map { r =>
                graft.engine.ScanMetrics.forPath(r.result, "graft_msfwd_b").foreach {
                  // staticFilesSize exists only when a live dynamic filter
                  // executed; ssz < 0 means NO DPP reached this scan.
                  case (nf, snf, sz, ssz) if ssz > 0 => println(
                    f"[sweep] $name forward scan: files $nf/$snf " +
                      f"bytes $sz/$ssz (read ${100.0 * sz / ssz}%.1f%% post-DPP)")
                  case (nf, _, sz, _) => println(
                    s"[sweep] $name forward scan: files $nf bytes $sz " +
                      "— NO DPP on forward scan (static metrics absent)")
                }
                name -> r.totalS
              }
          }
      pipelines ++ queries ++ kc ++ fwdRows
    }

    // 1× first, then the replica — the first shared build under the
    // replica dir releases every 1× build, whichever name it has
    // (graft.ops.SharedBuilds).
    val t1 = runAll(sfDir)

    // EVIDENCE SECTIONS, 1× only (between the passes, while the 1× caches
    // are warm). Each is rows of (label, fields), printed as
    // `[sweep] <section>:<label> k=v ...` and written under `evidence`; a
    // section that throws is listed in `failed`. SPARK_GRAFT_ONLY selects
    // sections by name.
    val evidence = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(String, Seq[(String, Double)])]]
    def section(name: String)(rows: => Seq[(String, Seq[(String, Double)])]): Unit =
      if (Runs.picked(name)) untimed(name, sfDir)(rows).foreach { rs =>
        rs.foreach { case (label, fields) =>
          println(s"[sweep] $name:$label " +
            fields.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
        }
        evidence(name) = rs
      }
    // Warm min-of-2 serve seconds (single-shot first touch reads cold).
    def min2[A](build: => A)(action: A => Any): Double =
      Runs.measure(2)(build)(action).fold(e => throw e, _._1.totalsS.min)
    // MAXSIM OPERATING POINTS: overlap@10 vs exact and serve seconds at
    // (nprobe, T) points bracketing the pinned (2, 20) at kc = 8, on the
    // SHIPPED serve code — where quality lives on both knobs, and that the
    // pinned point has margin. The kc axis rides the rows above.
    section("maxsim_sweep") {
      Seq((1, 5), (1, 20), (2, 5), (2, 20), (4, 40)).flatMap { case (np, t) =>
        val label = s"np${np}_t$t"
        row(s"maxsim_sweep:$label", sfDir)(
          SimilarityQ.maxsimIvfServeAt(spark, sfDir, np, t))(pairs).map(r =>
          label -> Seq("overlap" -> overlap(msTruth, r.result), "serve_s" -> r.totalS))
      }
    }
    // SEGMENT COUNT: the multi-segment BM25 impact serve at nseg ∈ 0..3 —
    // "segment-union serving is flat in segment count at fixed per-segment
    // size" as a measurement.
    section("bm25_seg_sweep") {
      Seq(0, 1, 2, 3).map(nseg => s"nseg$nseg" -> Seq("serve_s" ->
        min2(CorpusQ.bm25MultisegServeAt(spark, sfDir, nseg))(Runs.materialize)))
    }
    // PROBE AXIS: serve cost vs WORKLOAD size at fixed corpus for the three
    // persisted serves — the axis the scale passes hold fixed. Expected:
    // strongly sub-linear in |Q| (one plan, one index read fans out across
    // queries), flattening toward linear where per-query work dominates.
    // The late-interaction probe unit is a DOCUMENT (~100 token queries),
    // so its q1000 point is left out.
    section("probe_sweep") {
      def pts(table: String) = {
        val total = Catalog.load(spark, sfDir, table).count().toInt
        Seq(10, 100, 1000).map(n => math.max(1, total / n) -> n)
      }
      def point(fam: String, n: Int)(serve: => DataFrame) =
        s"$fam:q$n" -> Seq("serve_s" -> min2(serve)(Runs.materialize))
      pts("embeddings").map { case (mod, n) =>
        point("ivf_dense", n)(TrainQ.kmeansServeAtProbes(spark, sfDir, mod)) } ++
      pts("documents").take(2).map { case (mod, n) =>
        point("maxsim_ivf", n)(
          SimilarityQ.maxsimPersistedServeAtProbes(spark, sfDir, mod)) } ++
      Seq(10, 100, 1000).map(n =>
        point("bm25_impact", n)(CorpusQ.bm25BatchServeAt(spark, sfDir, n)))
    }
    // RECALL/COST SWEEP: recall@10 and build/serve seconds of IVF-PQ at
    // operating points on the real corpus (near-isotropic), a CLUSTERED
    // corpus where ANN structure exists to find, and a SKEWED one
    // (anisotropic, heavy-tailed cluster masses, 5% outliers — the geometry
    // that can embarrass IVF-PQ). Large codebooks train on the join path.
    section("recall_sweep") {
      import graft.ops.AnnSweep
      import graft.ops.AnnSweep.OpPoint
      val emb = Catalog.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      def pointsOn(tag: String) = Seq(
        OpPoint(s"${tag}_np2_m8_k64", kc = 20, nprobe = 2, m = 8, k = 64),
        OpPoint(s"${tag}_np4_m16_k256", kc = 20, nprobe = 4, m = 16, k = 256),
        OpPoint(s"${tag}_np4_m32_k256", kc = 20, nprobe = 4, m = 32, k = 256))
      (AnnSweep.sweep(emb, "vec_id", "embedding", 64, Seq(
        OpPoint("emb_np2_m4_k8", kc = 16, nprobe = 2, m = 4, k = 8),
        OpPoint("emb_np4_m8_k64", kc = 16, nprobe = 4, m = 8, k = 64),
        OpPoint("emb_np8_m8_k256", kc = 16, nprobe = 8, m = 8, k = 256),
        OpPoint("emb_np8_m16_k256", kc = 16, nprobe = 8, m = 16, k = 256))) ++
      AnnSweep.sweep(AnnSweep.clusteredCorpus(spark, 2000, 64, 20, 0.3),
        "vec_id", "embedding", 64, pointsOn("clu")) ++
      AnnSweep.sweep(AnnSweep.skewedCorpus(spark, 2000, 64, 20, 0.3),
        "vec_id", "embedding", 64, pointsOn("skw"))).map(r => r.name -> Seq(
        "recall" -> r.recall, "build_s" -> r.buildS, "serve_s" -> r.serveS))
    }
    // MAINTENANCE RECALL: the lifecycle rows pin appended == compacted
    // bit-equal, which cannot see shared decay (the delta is encoded with
    // codebooks trained before it existed). Frozen-model append vs full
    // retrain at the best clustered point, both against exact truth on
    // base ∪ delta; base = ids < 1800 keeps every cluster represented.
    section("maint_recall") {
      val corpus = graft.ops.AnnSweep.clusteredCorpus(spark, 2000, 64, 20, 0.3)
      val r = graft.ops.AnnSweep.appendRecall(
        corpus.filter(col("vec_id") < 1800), corpus.filter(col("vec_id") >= 1800),
        "vec_id", "embedding", 64, graft.ops.AnnSweep.OpPoint(
          "clu_np4_m16_k256", kc = 20, nprobe = 4, m = 16, k = 256))
      Seq(r.name -> Seq("appended" -> r.appended, "retrained" -> r.retrained,
        "append_s" -> r.appendS, "retrain_s" -> r.retrainS))
    }
    // BPE VOCABULARY SIZE: SURVEY §9 claims training cost stays
    // vocabulary-bounded as the merge count grows. Train at k ∈ {8, 32, 128}
    // and carry (train seconds, merges learned, corpus-weighted mean
    // tokens/word of the final state): per-round cost is a bounded
    // aggregate over the distinct-word table, so train_s should grow ~
    // linearly in rounds, not in corpus bytes.
    section("bpe_sweep") {
      Seq(8, 32, 128).map { k =>
        val r = Runs.time(graft.ops.Corpus.bpeTrain(
          Catalog.load(spark, sfDir, "documents"), "text", k)) { case (merges, vocab) =>
          val agg = vocab.agg(expr("sum(wc * size(split(trim(spaced), ' ')))"),
            expr("sum(wc)")).head
          vocab.unpersist()
          (merges.size, agg.getLong(0).toDouble / agg.getLong(1))
        }.fold(e => throw e, identity)
        s"k$k" -> Seq("train_s" -> r.totalS, "merges" -> r.result._1.toDouble,
          "mean_tokens" -> r.result._2)
      }
    }

    val tN = runAll(dst).toMap
    println(f"[sweep] ${"name"}%-34s ${"1x"}%8s ${s"${factor}x"}%8s ${"ratio"}%7s")
    val ratios = t1.collect { case (name, a) if tN.contains(name) =>
      val b = tN(name)
      val r = b / a
      val flag = if (r > 1.2 * factor) "  <-- flagged, re-measuring" else ""
      println(f"[sweep] $name%-34s $a%8.2f $b%8.2f $r%7.2f$flag")
      name -> r
    }
    // MEDIANS MODE for flagged rows: a single-shot timing that trips the
    // super-linear threshold is re-run medians-of-3 at BOTH scales before
    // the verdict. All 1× re-measures run before all N× so the shared-build
    // store's dir swap happens twice, not per query; the median discards
    // the rep that carries any lazy rebuild. Pipelines (single-shot builds) and the
    // kc/fwd rows (hooks outside SparkEntry.queries) keep their ratio.
    val flaggedNames = ratios.filter(_._2 > 1.2 * factor).map(_._1)
      .filter(SparkEntry.queries.contains)
    // A re-measure that fails falls back to the single-shot ratio.
    def median3(dir: String, name: String): Option[Double] =
      Runs.measure(3)(SparkEntry.queries(name)(spark, dir))(Runs.materialize) match {
        case Right((m, _)) => Some(m.medianS)
        case Left(e) =>
          println(s"[sweep] median3 FAILED for $name in $dir: ${Runs.cause(e)}" +
            " -- keeping single-shot ratio")
          None
      }
    val med1 = flaggedNames.map(n => n -> median3(sfDir, n)).toMap
    val medN = flaggedNames.map(n => n -> median3(dst, n)).toMap
    val remeasured = flaggedNames.flatMap { n =>
      (med1(n), medN(n)) match {
        case (Some(a), Some(b)) =>
          val r = b / a
          println(f"[sweep] remeasured $n%-30s med1=$a%.2f medN=$b%.2f ratio=$r%.2f")
          Some(n -> r)
        case _ => None
      }
    }.toMap
    val finalRatios = ratios.map { case (n, r) => n -> remeasured.getOrElse(n, r) }
    val supersFinal = finalRatios.filter(_._2 > 1.2 * factor).map(_._1)
    supersFinal.foreach(n =>
      println(f"[sweep] SUPER-LINEAR (survives medians): $n ${finalRatios.toMap.apply(n)}%.2f"))
    val worst = finalRatios.maxByOption(_._2)
    worst.foreach { case (n, r) => println(f"[sweep] worst ratio: $n $r%.2f") }
    // SERVE-AMORTIZATION PINS AT SCALE (pairs and rule in PlanGate): at the
    // REPLICA scale, where an index matters most (the persisted MaxSim
    // serve once inverted at 100× with nothing firing at 1×). A pair absent
    // from this sweep's row set does not pin.
    def pinOf(per: String, ins: String, m: Map[String, Double]): Option[String] =
      (m.get(per), m.get(ins)) match {
        case (Some(p), Some(i)) if PlanGate.servePinFires(p, i) =>
          Some(f"serve_pin@${factor}x: $per $p%.2fs > 1.25x $ins $i%.2fs")
        case _ => None
      }
    // MEDIANS MODE for fired pins: one interference transient on one
    // single-shot row fakes a violation, so BOTH rows of every fired pair
    // are re-measured at N×. Only fired pairs are re-evaluated with
    // medians: a lower re-measured median for a row SHARED with a non-fired
    // pair must not newly fire that pair against a possibly-inflated
    // single-shot on its unmeasured side.
    val firedPairs = PlanGate.ServePins.filter { case (per, ins) =>
      pinOf(per, ins, tN).isDefined }
    val pinMeds: Map[String, Double] =
      firedPairs.flatMap { case (per, ins) => Seq(per, ins) }.distinct
        .flatMap { n =>
          val m = median3(dst, n)
          m.foreach(v => println(
            f"[sweep] pin re-measure $n%-34s single=${tN(n)}%.2f medN=$v%.2f"))
          m.map(n -> _)
        }.toMap
    val servePinViolations: Seq[String] = firedPairs.flatMap { case (per, ins) =>
      val verdict = pinOf(per, ins, tN ++ pinMeds)
      if (verdict.isEmpty) println(
        s"[sweep] pin transient (cleared by medians): ${pinOf(per, ins, tN).get}")
      verdict
    }
    servePinViolations.foreach(v => println(s"[sweep] VIOLATION $v"))
    // Machine-readable artifact (SPARK_GRAFT_SWEEP_OUT=<file>): per-row 1×/N×
    // seconds + ratio (kc rows with their 1× overlap), the super-linear
    // verdict, the failed rows and the 1× evidence sections.
    sys.env.get("SPARK_GRAFT_SWEEP_OUT").foreach { out =>
      def r3(v: Double) = math.round(v * 1000.0) / 1000.0
      def strs(xs: Iterable[String]) = xs.map(v => s""""$v"""").mkString("[", ",", "]")
      def obj(fields: Seq[(String, Double)]) =
        fields.map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
      val rows = ratios.map { case (name, r) =>
        s""""$name":${obj(Seq("t1" -> t1.toMap.apply(name), "tN" -> tN(name),
          "ratio" -> r) ++ kcOverlap.get(name).map("overlap" -> _))}"""
      }.mkString(",")
      val remeas = remeasured.map { case (n, r) =>
        s""""$n":${obj(Seq("t1_med" -> med1(n).get, "tN_med" -> medN(n).get, "ratio" -> r))}"""
      }.mkString("{", ",", "}")
      val ev = evidence.map { case (name, rs) =>
        s""""$name":""" + rs.map { case (label, f) => s""""$label":${obj(f)}""" }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      val worstJson = worst.fold("null") { case (n, r) => s"""{"name":"$n","ratio":${r3(r)}}""" }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"factor":$factor,"sf":"$sfDir","super_linear_threshold":${r3(1.2 * factor)},""" +
          s""""super_linear":${strs(supersFinal)},"serve_pin_violations":${strs(servePinViolations)},""" +
          s""""failed":${strs(failed)},"remeasured":$remeas,"worst":$worstJson,""" +
          s""""evidence":$ev,"results":{$rows}}""")
      println(s"[sweep] wrote $out")
    }
    spark.stop()
  }
}
